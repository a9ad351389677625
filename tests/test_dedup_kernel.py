"""Regression tests for the MinHash signature kernel against the REAL
Spark implementation (the property tests in test_properties.py model
the math; these pin the production mapInPandas path).

Round-1 bug: shingle hashing via pandas' object-array hash was not a
pure function of the shingle set when shingles contained embedded NUL
bytes ('0' vs '0\\x00' collided in one array context and differed in
another), so signatures depended on batch composition. Shingles are now
hashed JVM-side (xxhash64 over explicit UTF-8 bytes, length-aware).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from mie_spark.operators.dedup import _MERSENNE31, _signatures_from_shingles

_SCHEMA = StructType(
    [
        StructField("doc", LongType()),
        StructField("shingles", ArrayType(StringType())),
    ]
)


def _sigs(spark, rows, num_hashes=16):
    df = spark.createDataFrame(rows, _SCHEMA).withColumn(
        "n_sh", F.size("shingles")
    )
    out = _signatures_from_shingles(df, num_hashes=num_hashes, seed=42)
    return {r["doc"]: list(r["signature"]) for r in out.collect()}


def test_signature_pure_under_nul_bytes_and_batch_context(spark):
    """Same shingle set ⇒ same signature, regardless of embedded NUL
    bytes, element order, or which other docs share the batch."""
    nul_set = ["0", "0\x00", "a\x00b"]
    alone = _sigs(spark, [(1, nul_set)])
    mixed = _sigs(
        spark,
        [
            (1, list(reversed(nul_set))),
            (2, ["0"]),
            (3, ["0\x00"]),
            (4, ["completely", "different", "shingles"]),
        ],
    )
    assert alone[1] == mixed[1]
    # '0' and '0\x00' are different shingles: their singleton signatures
    # must differ (they collided under the round-1 object-array hash)
    assert mixed[2] != mixed[3]


def test_signature_superset_monotone_and_in_range(spark):
    base = ["x", "y", "z\x00"]
    out = _sigs(spark, [(1, base), (2, base + ["extra-shingle"]), (3, [])])
    assert all(0 <= v <= _MERSENNE31 for v in out[1])
    assert all(b <= a for a, b in zip(out[1], out[2]))
    assert out[3] == [_MERSENNE31] * 16


def test_minhash_short_docs_do_not_collide(spark):
    """Docs too short to shingle share a sentinel signature; they must
    be excluded before banding or every pair of them becomes an LSH
    candidate (quadratic blowup on near-empty web docs) — and they can
    never pass a positive Jaccard threshold anyway."""
    from mie_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "x") for i in range(50)]  # 1 token each: zero 3-shingles
    rows += [(100, "the quick brown fox jumps over the lazy dog again"),
             (101, "the quick brown fox jumps over the lazy dog again")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = minhash_lsh_pairs(df, "doc_id", threshold=0.5).collect()
    assert {(r["a_id"], r["b_id"]) for r in pairs} == {(100, 101)}


def test_minhash_carries_string_ids(spark):
    """Signature schema must copy the id type from the input — string
    ids (fact:... keys) pass through mapInPandas opaquely."""
    from mie_spark.operators.dedup import minhash_lsh_pairs

    rows = [("fact:a", "the quick brown fox jumps over the lazy dog"),
            ("fact:b", "the quick brown fox jumps over the lazy dog"),
            ("fact:c", "completely different text with no overlap at all here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = minhash_lsh_pairs(df, "doc_id", threshold=0.9).collect()
    assert {(r["a_id"], r["b_id"]) for r in pairs} == {("fact:a", "fact:b")}


# --- exact-substring span census ---------------------------------------------

def test_exact_substring_span_merging_semantics(spark):
    """Hand-built corpus with a known shared 10-token run: two docs
    share tokens w0..w9 (three overlapping 8-gram windows at positions
    0,1,2 in doc 1 / 5,6,7 in doc 2) — windows must merge into ONE span
    of exactly 10 covered tokens per doc; the unrelated doc reports
    nothing."""
    from mie_spark.operators.dedup import exact_substring_stats

    shared = " ".join(f"w{i}" for i in range(10))
    unique1 = " ".join(f"a{i}" for i in range(5))
    unique2 = " ".join(f"b{i}" for i in range(5))
    rows = [
        (1, f"{shared} {unique1}"),          # span at pos 0..2 → cover [0,10)
        (2, f"{unique2} {shared}"),          # span at pos 5..7 → cover [5,15)
        (3, " ".join(f"c{i}" for i in range(20))),  # no cross-doc grams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc"]: (r["n_tokens"], r["n_dup_spans"], r["dup_tokens"])
        for r in exact_substring_stats(df, "doc_id", k=8).collect()
    }
    assert got == {1: (15, 1, 10), 2: (15, 1, 10)}


def test_exact_substring_distinct_spans_stay_separate(spark):
    """Two duplicated runs separated by a gap larger than k must report
    as TWO spans, and coverage must not bridge the gap."""
    from mie_spark.operators.dedup import exact_substring_stats

    run1 = " ".join(f"x{i}" for i in range(8))
    run2 = " ".join(f"y{i}" for i in range(8))
    gap = " ".join(f"g{i}" for i in range(12))
    rows = [
        (1, f"{run1} {gap} {run2}"),
        (2, run1),
        (3, run2),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc"]: (r["n_dup_spans"], r["dup_tokens"])
        for r in exact_substring_stats(df, "doc_id", k=8).collect()
    }
    # doc 1: two 8-token spans; docs 2/3 fully covered single spans
    assert got[1] == (2, 16)
    assert got[2] == (1, 8)
    assert got[3] == (1, 8)


def test_exact_substring_no_cartesian(spark):
    """The census must candidate-generate via the gram-hash equi-join,
    never an all-pairs product."""
    from mie_spark.operators.dedup import exact_substring_stats
    from mie_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = exact_substring_stats(docs, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- semantic (cluster-scoped) dedup -----------------------------------------

def test_srp_planes_deterministic_and_pm1():
    from mie_spark.operators.dedup import srp_planes

    a, b = srp_planes(4, 64), srp_planes(4, 64)
    assert a == b
    assert all(x in (1.0, -1.0) for p in a for x in p)
    # not degenerate: each plane mixes signs
    for p in a:
        assert 10 < sum(x > 0 for x in p) < 54


def test_semantic_dedup_subset_of_exhaustive_pairs(spark):
    """Cluster-scoped pairs must be a SUBSET of the exhaustive
    cosine>=thr pair list (the documented boundary-loss trade), agree
    on every surviving cosine, and keep a usable recall on this
    corpus."""
    from mie_spark.operators.dedup import semantic_dedup_pairs
    from mie_spark.operators.vector import similarity_self_join
    from mie_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    clustered = {
        (r["a_id"], r["b_id"]): r["cosine"]
        for r in semantic_dedup_pairs(emb, "vec_id", threshold=0.4).collect()
    }
    exhaustive = {
        (r["a_id"], r["b_id"])
        for r in similarity_self_join(emb, "embedding", threshold=0.4).collect()
    }
    assert set(clustered) <= exhaustive
    # sf0.001's qualifying pairs sit near the threshold (cos ≈ 0.4 ⇒
    # θ ≈ 66°), where 4-plane SRP keeps only ~(1-66/180)⁴ ≈ 16% of
    # pairs in-bucket — the documented boundary trade. The invariants
    # are: subset, nonzero survivors, and sane cosines.
    assert len(clustered) >= 0.1 * len(exhaustive) > 0
    assert all(0.4 <= c <= 1.0 for c in clustered.values())


def test_semantic_dedup_no_cartesian(spark):
    from mie_spark.operators.dedup import semantic_dedup_pairs
    from mie_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    plan = (
        semantic_dedup_pairs(emb, "vec_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_substring_matches_brute_force_model(spark):
    """Randomized cross-check against a pure-Python reference model:
    30 docs from a tiny vocabulary (seeded, reproducible) so cross-doc
    k-gram collisions are dense, spans overlap, and island merging is
    exercised far beyond the hand-built cases."""
    import random

    from mie_spark.operators.dedup import exact_substring_stats

    rng = random.Random(20260814)
    vocab = [f"t{i}" for i in range(12)]
    k = 4
    rows = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 40))))
        for d in range(30)
    ]

    # reference model: literal k-gram strings, set-of-docs df, interval
    # union by sweeping sorted positions
    grams: dict[str, set[int]] = {}
    doc_positions: dict[int, list[tuple[int, str]]] = {}
    for d, text in rows:
        toks = text.split()
        pos = [(i, " ".join(toks[i : i + k])) for i in range(len(toks) - k + 1)]
        doc_positions[d] = pos
        for _, g in pos:
            grams.setdefault(g, set()).add(d)
    expected = {}
    for d, text in rows:
        dup = sorted(i for i, g in doc_positions[d] if len(grams[g]) >= 2)
        if not dup:
            continue
        spans = 1
        covered_end = dup[0] + k
        covered = k
        for p in dup[1:]:
            if p > covered_end:
                spans += 1
                covered += k
            else:
                covered += p + k - covered_end
            covered_end = p + k
        expected[d] = (len(text.split()), spans, covered)

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc"]: (r["n_tokens"], r["n_dup_spans"], r["dup_tokens"])
        for r in exact_substring_stats(df, "doc_id", k=k).collect()
    }
    assert got == expected


def test_tokenizer_whitespace_class_matches_re2(spark):
    """Java `\\s` includes vertical tab U+000B; RE2 (every DuckDB
    oracle) does not. The tokenizer spells the class out to RE2's
    definition, so a VT-joined pair must stay ONE token in BOTH
    engines — this pins the engine-portability contract at the one
    character where the two regex dialects disagree."""
    import duckdb

    from mie_spark.operators.text import fingerprint, tokens

    probe = "a\x0bb c\td"
    sdf = spark.createDataFrame([(probe,)], "text string").select(
        tokens(F.col("text")).alias("toks"),
        fingerprint(F.col("text")).alias("fp"),
    )
    srow = sdf.collect()[0]
    drow = duckdb.connect().execute(
        r"""
        SELECT list_filter(string_split_regex(?, '\s+'), x -> x <> '') AS toks,
               sha256(lower(trim(regexp_replace(?, '\s+', ' ', 'g')))) AS fp
        """,
        [probe, probe],
    ).fetchone()
    assert srow["toks"] == drow[0] == ["a\x0bb", "c", "d"]
    assert srow["fp"] == drow[1]


def test_bpe_trainer_matches_hand_computed_merges(spark):
    """Classic BPE on a tiny vocab with known pair counts: the trainer
    must pick merges in (count desc, pair lex asc) order and re-count
    after each merge (the sequential dependence that makes this
    non-SQL)."""
    from mie_spark.operators.text import bpe_encode, train_bpe_merges

    vocab = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "w string, freq long",
    )
    merges = train_bpe_merges(vocab, n_merges=4)
    # pair counts round 1: es=9 (newest 6 + widest 3), st=9, lo=7, ow=7...
    # tie (es, st) breaks lexicographically -> ('e','s'); after that
    # merge, ('es','t') counts 9 and wins round 2.
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    # encode: 'newest' ends in one 'est' symbol after the two merges
    df = spark.createDataFrame([(1, "newest newest")], "doc_id long, text string")
    row = bpe_encode(df, merges[:2]).collect()[0]
    assert row["n_words"] == 2
    # n,e,w,est per word = 4 symbols, one of which is merged
    assert row["n_syms"] == 8 and row["n_merged_syms"] == 2


def test_bpe_trainer_cap_guard(spark):
    from mie_spark.operators.text import train_bpe_merges
    import pytest

    vocab = spark.createDataFrame(
        [(f"w{i}", 1) for i in range(10)], "w string, freq long"
    )
    with pytest.raises(ValueError):
        train_bpe_merges(vocab, n_merges=1, max_vocab_rows=5)


def test_simhash_two_level_banding_equals_quadratic(spark):
    """The r13 band-bucket saturation lever: two-level banding (main
    band + interleaved bit-class of the band-masked signature) must
    return EXACTLY the single-level / quadratic-scan result — recall
    is a pigeonhole theorem, not a tuning. Adversarial corpus: planted
    near-dup cliques at every hamming 0..7 plus random far-apart
    signatures, checked at max_hamming 6 and 7."""
    import itertools
    import random

    from mie_spark.operators.dedup import simhash_candidate_pairs

    rng = random.Random(13)
    sigs: list[tuple[int, int]] = []
    doc = 0
    # planted cliques: a base sig + variants at growing hamming radii,
    # including identical copies (hamming-0 cliques)
    for c in range(12):
        base = rng.getrandbits(60)
        for d in (0, 0, 1, 2, 3, 5, 6, 7):
            v = base
            for bit in rng.sample(range(60), d):
                v ^= 1 << bit
            sigs.append((doc, v))
            doc += 1
    for _ in range(150):  # far-apart background
        sigs.append((doc, rng.getrandbits(60)))
        doc += 1
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")

    for h in (6, 7):
        want = {
            (a, b, bin(sa ^ sb).count("1"))
            for (a, sa), (b, sb) in itertools.combinations(sigs, 2)
            if bin(sa ^ sb).count("1") <= h
        }
        for lever in (False, True):
            got = {
                (r["a_id"], r["b_id"], r["hamming"])
                for r in simhash_candidate_pairs(
                    df, max_hamming=h, two_level=lever
                ).collect()
            }
            assert got == want, (h, lever, len(got), len(want))
        assert len(want) > 12  # the cliques actually planted pairs


def test_lang_id_frame_known_strings_and_ties(spark):
    """Pins lang_id_frame's semantics on crafted strings: per-language
    stopword hit-rate argmax, CJK character-ratio for zh, first-wins
    tie order (profile order en,es,fr,de,zh), und when nothing scores,
    and the empty-text degenerate. Guards the r13 single-evaluation
    rewrite (Generate-barrier form) against the documented Column-form
    semantics."""
    from mie_spark.operators.text import lang_id_frame

    rows = [
        (0, "the cat and the dog is in that house", "en"),
        (1, "el gato y la casa de que un por con los", "es"),
        (2, "le chat et les des une est dans", "fr"),
        (3, "der hund und das ist von mit den ein nicht", "de"),
        (4, "你好世界", "zh"),
        (5, "xyzzy qwerty plugh", "und"),  # zero hits everywhere
        (6, "", "und"),  # empty text: all denominators guard to 1
        # "de" hits the es AND fr profiles equally (1/1 both) — the
        # es/fr tie must resolve first-wins in profile order -> es
        (7, "de", "es"),
        # "la" likewise lives in both es and fr profiles -> es
        (8, "la", "es"),
        # UPPERCASE tokens lower before matching
        (9, "THE AND OF IS", "en"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["predicted_lang"]
        for r in lang_id_frame(df).collect()
    }
    want = {i: lang for i, _, lang in rows}
    assert got == want
    # column passthrough contract: input columns survive, out appended
    assert lang_id_frame(df).columns == ["doc_id", "text", "predicted_lang"]
