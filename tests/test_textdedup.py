"""Text / dedup operators: Spark engine vs DuckDB mirror (mini gate).

These run the same paired implementations the driver's correctness gate
uses, at sf0.001, and require exact multiset equality.
"""

import duckdb
import pytest


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in ("documents", "lineitem"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return c


def assert_same(spark_df, con, sql):
    import math
    got = spark_df.toPandas()
    want = con.execute(sql).df()

    def norm(df):
        cols = sorted(df.columns)
        rows = []
        for row in df[cols].itertuples(index=False, name=None):
            out = []
            for v in row:
                if isinstance(v, float):
                    out.append(f"{v:.9g}" if not math.isnan(v) else "NaN")
                else:
                    out.append(str(v))
            rows.append(tuple(out))
        return cols, sorted(rows)

    gc, gr = norm(got)
    wc, wr = norm(want)
    assert [c.lower() for c in gc] == [c.lower() for c in wc]
    assert gr == wr


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


class TestText:
    def test_text_features(self, docs, con):
        from libgeodesk_spark.operators.textops import text_features, text_features_sql
        assert_same(text_features(docs), con, text_features_sql())

    def test_nonempty_results(self, docs):
        from libgeodesk_spark.operators.textops import text_features
        pdf = text_features(docs).toPandas()
        assert (pdf.n_tokens > 0).all()
        assert pdf.lang_guess.isin(["en", "fr", "de", "es"]).all()


class TestDedup:
    def test_exact(self, docs, con):
        from libgeodesk_spark.operators.dedup import exact_dedup, exact_dedup_sql
        assert_same(exact_dedup(docs), con, exact_dedup_sql())

    def test_simhash(self, docs, con):
        from libgeodesk_spark.operators.dedup import simhash, simhash_sql
        assert_same(simhash(docs), con, simhash_sql())

    def test_simhash_near_dups(self, docs, con):
        from libgeodesk_spark.operators.dedup import (
            simhash_near_dups,
            simhash_near_dups_sql,
        )
        assert_same(simhash_near_dups(docs), con, simhash_near_dups_sql())

    def test_minhash_lsh(self, docs, con):
        from libgeodesk_spark.operators.dedup import (
            minhash_lsh_pairs,
            minhash_lsh_pairs_sql,
        )
        assert_same(minhash_lsh_pairs(docs, 50), con, minhash_lsh_pairs_sql(50))

    def test_minhash_collapse_exact_is_output_identical(self, spark, docs):
        """collapse_exact (distinct-text collapse + pair expansion with
        WEIGHTED stop-shingle df) must return the EXACT pair set of the
        plain path on a duplicate-heavy corpus — incl. replica groups,
        cross-group near-dups, empty/null texts, and a stop-shingle
        whose cap decision only matches under weighted df."""
        from pyspark.sql import functions as F

        from libgeodesk_spark.operators.dedup import minhash_lsh_pairs
        base = docs.limit(40).select("doc_id", "text")
        reps = base.select(
            "text", F.explode(F.array(*[F.lit(i) for i in range(6)]))
            .alias("rep"), "doc_id")
        big = reps.select(
            (F.col("doc_id") * 10 + F.col("rep")).alias("doc_id"), "text")
        extra = spark.createDataFrame(
            [(900001, None), (900002, ""), (900003, ""),
             (900004, "tiny"), (900005, "tiny")],
            "doc_id long, text string")
        corpus = big.unionByName(extra)
        from libgeodesk_spark.operators.dedup import ngram_jaccard_pairs
        for thresh in (50, 90):
            a = sorted(map(tuple,
                           minhash_lsh_pairs(corpus, thresh).collect()))
            b = sorted(map(tuple,
                           minhash_lsh_pairs(corpus, thresh,
                                             collapse_exact=True)
                           .collect()))
            assert a == b and len(b) > 0, thresh
        # exact ngram-Jaccard shares the collapse skeleton — same contract
        a = sorted(map(tuple, ngram_jaccard_pairs(corpus, 60).collect()))
        b = sorted(map(tuple, ngram_jaccard_pairs(corpus, 60,
                                                  collapse_exact=True)
                       .collect()))
        assert a == b and len(b) > 0
        # simhash too (no df-cap machinery; hamming carried through)
        from libgeodesk_spark.operators.dedup import simhash_near_dups
        a = sorted(map(tuple, simhash_near_dups(corpus).collect()))
        b = sorted(map(tuple, simhash_near_dups(corpus,
                                                collapse_exact=True)
                       .collect()))
        assert a == b and len(b) > 0

    def test_collapse_key_null_vs_sentinel_text(self, spark):
        """ADVICE r4: a document whose text is literally the old
        '\\x00null' sentinel must NOT collapse into the NULL-text group
        — the group key is structural (isNull, md5), so no string can
        collide with NULL."""
        from libgeodesk_spark.operators.dedup import (minhash_lsh_pairs,
                                                      simhash_near_dups)
        corpus = spark.createDataFrame(
            [(1, None), (2, None), (3, "\x00null"), (4, "\x00null"),
             (5, "an ordinary sentence about maps and tiles " * 3),
             (6, "an ordinary sentence about maps and tiles " * 3)],
            "doc_id long, text string")
        for fn in (minhash_lsh_pairs, simhash_near_dups):
            pairs = {(r[0], r[1])
                     for r in fn(corpus, collapse_exact=True).collect()}
            plain = {(r[0], r[1]) for r in fn(corpus).collect()}
            assert pairs == plain
            # sentinel-text docs pair with each other, never with NULLs
            assert (3, 4) in pairs or (1, 2) not in pairs
            assert not any({a, b} & {1, 2} and {a, b} & {3, 4}
                           for a, b in pairs)

    def test_ngram_jaccard(self, docs, con):
        from libgeodesk_spark.operators.dedup import (
            ngram_jaccard_pairs,
            ngram_jaccard_pairs_sql,
        )
        assert_same(ngram_jaccard_pairs(docs, 50), con, ngram_jaccard_pairs_sql(50))

    def test_phash_near_dups(self, spark):
        """Planted hamming-1/2/3 twins are all found (pigeonhole: radius 3
        < 4 bands); a hamming-4 pair and far pairs are not."""
        from libgeodesk_spark.operators.dedup import phash_near_dups
        base = 0x123456789ABCDEF0
        rows = [
            ("a", base),
            ("b", base ^ 0x1),                      # hamming 1
            ("c", base ^ 0b101),                    # hamming 2 (same band)
            ("d", base ^ (1 | (1 << 20) | (1 << 40))),  # hamming 3, 3 bands
            ("e", base ^ (1 | (1 << 16) | (1 << 32) | (1 << 48))),  # ham 4
            ("f", 0x0F0F0F0F0F0F0F0F),              # far
        ]
        df = spark.createDataFrame(rows, "image_id string, phash long")
        got = {(r.id_a, r.id_b, r.hamming)
               for r in phash_near_dups(df).collect()}
        assert ("a", "b", 1) in got
        assert ("a", "c", 2) in got
        assert ("a", "d", 3) in got
        assert not any({p[0], p[1]} >= {"a", "e"} for p in got)
        assert not any("f" in (p[0], p[1]) for p in got)
        # b vs c: differ in bits {0(no: b flips 0, c flips 0 and 2)} ->
        # xor = 0b100, hamming 1 — also a valid near-dup pair
        assert ("b", "c", 1) in got


def test_phash_banded_matches_brute_hamming(spark):
    """Pigeonhole completeness of the 4x16-bit banded self-join: ALL
    pairs at hamming <= 3 over seeded random 64-bit hashes (plus planted
    1-3-bit twins) — banding can only over-candidate, never miss, so the
    exact pair set must equal the brute O(n²) scan."""
    import random

    from libgeodesk_spark.operators.dedup import phash_near_dups
    rng = random.Random(13)
    hashes = {}
    for i in range(150):
        hashes[f"h{i:03d}"] = rng.getrandbits(64) - (1 << 63)
    for i in range(0, 150, 10):          # planted twins at 1-3 bit flips
        base = hashes[f"h{i:03d}"]
        flip = 0
        for b in rng.sample(range(64), rng.randint(1, 3)):
            flip |= 1 << b
        hashes[f"h{i:03d}t"] = (base ^ flip) - (1 << 64) \
            if (base ^ flip) >= (1 << 63) else base ^ flip
    rows = list(hashes.items())
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {(r.id_a, r.id_b) for r in phash_near_dups(df).collect()}
    want = set()
    ids = sorted(hashes)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            h = bin((hashes[ids[i]] ^ hashes[ids[j]])
                    & ((1 << 64) - 1)).count("1")
            if h <= 3:
                want.add((ids[i], ids[j]))
    assert got == want and len(want) >= 15
